package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions._
import graft.functions.{MinHashFromShinglesExpr, MinMd5Expr, ShinglesExpr, SimHashMd5Expr}
import graft.functions.HammingDistance.hamming

/** Deduplication operators over a document corpus — the exact and
  * near-dup family a 100 TB training-data pipeline needs.
  *
  * Scale shapes:
  *  - exact: one hash-groupBy (single shuffle on the content hash).
  *  - shingleJaccard: exact n-gram Jaccard via an inverted-index
  *    self-join on shingles — correct but O(Σ df²); the reference
  *    answer for tests and small corpora.
  *  - minhashLsh: the 100 TB path — constant-size signatures, band
  *    bucket join generates candidates, exact Jaccard verifies them.
  *    Join volume is bounded by band-bucket sizes, not corpus².
  *  - simhashPairs: constant-size fingerprints, pigeonhole band join,
  *    native fused hamming filter.
  *
  * All per-row sketch work (shingling, hashing, signatures) runs in
  * native codegen'd expressions (functions.SketchExpressions) — the
  * round-1 interpreted-HOF versions cost ~10–40 ms/doc; these are
  * ~µs/doc, which is what keeps the signature pass scan-bound at
  * 100 TB. Single-consumer pipelines (d02/d04/d08) recompute the
  * shingle array instead of caching; minhashLsh localCheckpoints it
  * because three consumers share it.
  */
object Dedup {

  /** Exact dedup groups by content hash: (hash, n_docs, min_doc_id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))

  /** (doc_id, distinct shingle array), one native pass per doc.
    *
    * The exchange exists only when the scan is under-split (fewer
    * input partitions than cores — single-file / single-row-group
    * corpora); a 100 TB corpus already arrives split into thousands
    * of parquet byte ranges, so no repartition (and no full-corpus
    * shuffle) happens there. When it does fire, the projection-first
    * order keeps the exchange payload to (id, text) and lands the
    * sketch compute on every core. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String, k: Int) = {
    val projected = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (projected.rdd.getNumPartitions < parallelism) projected.repartition(parallelism)
      else projected
    // streaming tokenizer (ShinglesFromTextExpr): identical output to
    // split + ShinglesExpr, but a zipf giant costs its distinct set,
    // not a corpus-row-sized transient token array (128 MB/task cell)
    spread.select(col("doc_id"),
        ShinglesExpr.shinglesFromText(col("__text"), k).as("__sh"))
      .filter(size(col("__sh")) > 0)
  }

  /** Exact-Jaccard score of the given candidate pairs, from the
    * shingle sets in `base` (doc_id, __sh). Two equi-joins attach each
    * side's (distinct) shingle array to the pair; the score is a
    * single codegen'd `array_intersect` per candidate — no explode, no
    * pair groupBy. Candidate volume is LSH-bounded, so the per-pair
    * set intersection is the cheap part; the joins shuffle `base`
    * keyed by doc_id (or broadcast the candidates when AQE sees they
    * are small). `base` is expected to be localCheckpoint'd by the
    * caller so its referenced-twice plan is a cache read, not a
    * recompute. */
  private def verifyJaccard(base: DataFrame, candidates: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(base.select(col("doc_id").as("a_id"), col("__sh").as("__sha")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("__sh").as("__shb")), "b_id")
      .withColumn("c", size(array_intersect(col("__sha"), col("__shb"))))
      .withColumn("jac",
        col("c") / (size(col("__sha")) + size(col("__shb")) - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))

  /** Exact n-gram Jaccard pairs at or above `threshold`, via posting
    * lists instead of a self-join: group the exploded shingles once
    * (the only wide shuffle of corpus-sized data), emit every ordered
    * pair inside each posting list, and count pair occurrences — the
    * intersection size. Each doc's set size rides along in the
    * posting structs, so no join of any kind remains: one groupBy on
    * the shingle, one on the pair. The classic self-join shape does
    * the same Σ df² pair work but adds a second evaluation of the
    * shingle plan, a sort/hash of shingle *strings* on both join
    * sides, and the join itself. jac = c / (na + nb − c).
    *
    * `maxDf` drops shingles whose document frequency exceeds it —
    * df² pair generation for an every-document shingle is the one
    * quadratic cliff of this shape at 100 TB, and ultra-common
    * shingles carry no dedup signal. The default keeps the operator
    * exact (the test-oracle twin). */
  def shingleJaccard(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, threshold: Double = 0.5,
                     maxDf: Int = Int.MaxValue): DataFrame = {
    val base = shingled(docs, idCol, textCol, k)
    // The shingle STRING never reaches a shuffle: it is hashed to an
    // int64 in the same stage as the explode, and every downstream
    // exchange (df count, posting groupBy, pair groupBy) keys on the
    // 8-byte hash instead of a ~24-byte string — roughly halving the
    // one corpus-sized shuffle this operator performs. The pair COUNT
    // is the payload, not the key, so the result stays exact up to
    // xxhash64 collisions (P ≈ n²/2⁶⁵ — negligible at any shingle
    // cardinality a single store holds).
    val exploded = base
      .select(col("doc_id"), size(col("__sh")).as("n"), explode(col("__sh")).as("__s"))
      .select(col("doc_id"), col("n"), xxhash64(col("__s")).as("s"))
    // maxDf must prune BEFORE the posting lists are collected: an
    // every-document shingle would otherwise concentrate its whole doc
    // list into one collect_list buffer on one task (the single-key
    // memory cliff), only to be dropped by the size filter afterwards.
    // Per-shingle counts are a partial-agg groupBy (cheap, no skew);
    // the over-frequent shingles are a tiny set, so the exclusion join
    // broadcasts.
    val pruned =
      if (maxDf == Int.MaxValue) exploded
      else {
        val tooCommon = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select(col("s"))
        exploded.join(broadcast(tooCommon), Seq("s"), "left_anti")
      }
    val posting = pruned
      .groupBy(col("s"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
    // Pair fan-out as TWO pipelined generates, not one flatten(
    // transform(transform(...))): the single-expression form
    // materializes all |ds|²/2 pair structs of a posting list in ONE
    // row evaluation — with no maxDf (d02's exact-all-pairs contract)
    // a df=1000 shingle is a ~16 MB single-row allocation, and the
    // memory-bounded sf10 rehearsal (4 GB heap / 32 task threads =
    // 128 MB per task) OOMed exactly there. posexplode streams the
    // anchor element; the inner explode then materializes only the
    // O(|ds|) tail slice per eval. Same pairs, same single
    // corpus-sized shuffle, peak per-eval memory df² → df.
    val pairs = posting
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("a.doc_id").as("a_id"), col("a.n").as("na"),
        explode(expr("slice(ds, i + 2, size(ds) - i - 1)")).as("b"))
      .select(col("a_id"), col("na"),
        col("b.doc_id").as("b_id"), col("b.n").as("nb"))
    pairs.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("c"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .withColumn("jac", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Cross-SOURCE shingle-overlap matrix — mirror detection: which
    * domains/feeds republish each other's content. For every source
    * pair that shares any k-shingle: the shared distinct-shingle
    * count, each side's distinct-shingle count, and the containment
    * `n_shared / min(n_a, n_b)` (≈1 ⇒ the smaller source is a mirror
    * of the larger — the signal crawl curation drops feeds on).
    *
    * Scale shape: shingles hash to int64 IN the explode stage (the
    * shingleJaccard discipline) and the ONLY corpus-sized exchange is
    * the (source, hash) DISTINCT; the per-shingle source set is
    * bounded by the source count (a crawl has thousands of domains,
    * not billions), so the pair expansion is source-set-bounded per
    * shingle, never doc-df² — the cliff [[shingleJaccard]] needs
    * `maxDf` to dodge cannot occur here. Sizes are O(sources) and
    * broadcast back onto the matrix. */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, k: Int = 3): DataFrame = {
    val srcSh = docs
      .select(col(srcCol).as("src"),
        ShinglesExpr.shingles(tokens(col(textCol)), k).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("src"), explode(col("__sh")).as("__s"))
      .select(col("src"), xxhash64(col("__s")).as("s"))
      .distinct()
    val sizes = srcSh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val shared = srcSh.groupBy(col("s"))
      .agg(array_sort(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs) - i - 1), b ->
          |    named_struct('src_a', a, 'src_b', b))))""".stripMargin)).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("containment", col("n_shared") / least(col("n_a"), col("n_b")))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("containment"))
  }

  /** WITHIN-source duplication profile — [[sourceOverlap]]'s
    * complement: how internally repetitive each feed is (a feed whose
    * shingle instances are mostly repeats is boilerplate-heavy — the
    * other curation drop signal). Counts are over per-DOC-distinct
    * shingles, so a shingle repeated inside one document counts once
    * there and `dup_rate = 1 − distinct/instances` measures
    * CROSS-document repetition within the source. Two stacked
    * partial-agg shuffles — (source, hash) then source — never an
    * Expand (the d28 two-level-distinct discipline). */
  def sourceDupRate(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, k: Int = 3): DataFrame = {
    val perHash = docs
      .select(col(srcCol).as("src"),
        ShinglesExpr.shingles(tokens(col(textCol)), k).as("__sh"))
      .select(col("src"), explode(col("__sh")).as("__s"))
      .select(col("src"), xxhash64(col("__s")).as("s"))
      .groupBy(col("src"), col("s")).agg(count(lit(1)).as("c"))
    perHash.groupBy(col("src"))
      .agg(sum(col("c")).as("n_shingles"), count(lit(1)).as("n_distinct"))
      .withColumn("dup_rate", lit(1) - col("n_distinct") / col("n_shingles"))
  }

  /** MinHash + LSH near-dup pairs: signature → band keys → bucket
    * join → exact-Jaccard verification of the candidates only.
    *
    * Default 32 bands × 2 rows over 64 permutations: recall for a
    * pair at J ≥ 0.7 is 1 − (1 − J²)³² ≥ 1 − 5·10⁻¹⁰ — effectively
    * exact, so the output equals the exact-Jaccard pair set and a
    * DuckDB oracle can verify it, while candidate volume stays
    * band-bucket-bounded (r=2 keeps unrelated docs from colliding). */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, numPerm: Int = 64, bands: Int = 32,
                 threshold: Double = 0.7): DataFrame = {
    require(numPerm % bands == 0, s"bands=$bands must divide numPerm=$numPerm")
    val rows = numPerm / bands
    // The shingled base feeds three consumers — the signature pass and
    // both sides of the candidate verification. localCheckpoint
    // materializes it ONCE; without it the full tokenize+shingle
    // pipeline re-runs per consumer — three sketch passes over the
    // corpus at 100 TB where one suffices. DISK_ONLY: the block set
    // is corpus-sized (every doc's shingle array), and parking it in
    // the unified pool as protected storage starves the downstream
    // band join / verification joins of execution memory — the
    // corpus-sized-checkpoints-go-to-disk policy (see ccStars).
    val base = shingled(docs, idCol, textCol, k)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val sigs = base.select(col("doc_id"),
      MinHashFromShinglesExpr.minhash(col("__sh"), numPerm).as("__sig"))
    // Band keys relationally (codegen'd xxhash64 over the band's
    // signature slots + band index) — no HOF, no string concat.
    val bandCols = (0 until bands).map { bIdx =>
      xxhash64((lit(bIdx) +: (0 until rows).map(r =>
        element_at(col("__sig"), bIdx * rows + r + 1))): _*)
    }
    val bandKeys = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
    val candidates = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(base, candidates, threshold)
  }

  /** SimHash near-dup pairs: 60-bit md5-based shingle fingerprints
    * (shingles are discriminative even over a small vocabulary; raw
    * tokens are not), pigeonhole 4×15-bit band join, native fused
    * hamming filter. A pair within hamming ≤ 3 shares at least one
    * band, so the band join is exact (recall 1.0) for the default
    * threshold — the output is deterministic and DuckDB-verifiable. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, k: Int = 3): DataFrame = {
    val base = shingled(docs, idCol, textCol, k)
    val fps = base.select(col("doc_id"), SimHashMd5Expr.simhash(col("__sh")).as("fp"))
    val bandCols = (0 until 4).map { b =>
      lit(b.toLong * 32768L) + shiftright(col("fp"), b * 15).bitwiseAND(lit(32767L))
    }
    val bandKeys = fps.select(col("doc_id"), col("fp"),
      explode(array(bandCols: _*)).as("band"))
    bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs over arbitrary 64-bit fingerprints `(doc_id, fp)`
    * — the generic hamming band join behind both SimHash text dedup
    * and PERCEPTUAL IMAGE dedup (`Multimodal.dHash` fingerprints):
    * pigeonhole the 64 bits into 8 bands of 8 bits, so any pair
    * within hamming ≤ 7 shares at least one exact band (recall 1.0
    * for maxHamming ≤ 7), join on the band key, verify with the
    * fused native hamming expression. One explode (8 rows/doc, ints
    * only) + one equi-join — the same shape that holds at 100 TB for
    * the text paths. */
  def hammingPairs(fps: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"band layout guarantees recall only for maxHamming <= 7, got: $maxHamming")
    val bandCols = (0 until 8).map { b =>
      lit(b.toLong << 8) + shiftright(col("fp"), b * 8).bitwiseAND(lit(255L))
    }
    val bandKeys = fps.select(col("doc_id"), col("fp"),
      explode(array(bandCols: _*)).as("band"))
    bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** One-permutation document fingerprint: min(md5(shingle)) — the
    * SQL-expressible MinHash special case (collision prob = Jaccard),
    * grouped into dedup clusters. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    shingled(docs, idCol, textCol, k)
      .select(col("doc_id"), MinMd5Expr.minMd5(col("__sh")).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))

  /** Duplicate CLUSTERS from a near-dup pair list — connected
    * components over the similarity graph, the step that turns
    * pairwise output (d02/d03/d04/d09) into the keep-one-per-cluster
    * decision an actual dedup run executes. Cluster id = the
    * component's minimum doc id.
    *
    * Algorithm: BSP min-label propagation — every node repeatedly
    * takes the min label over its neighborhood until a fixpoint.
    * Each round is one join + one groupBy, both keyed on node ids;
    * rounds are bounded by the component diameter (near-dup clusters
    * are shallow — a handful of rounds), and each round's labels are
    * localCheckpoint'd so the lineage stays flat. The driver only
    * ever sees the per-round change COUNT (one scalar), never data.
    * This is the standard scalable CC shape when no graph library is
    * on the cluster; the DuckDB oracle computes the same components
    * with a recursive CTE. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val (labels, _) = ccStars(pairs)
    labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
  }

  /** The DROP list a near-dup pair set implies: every doc except its
    * cluster's minimum id, as `(doc_id, cluster_id)` — the row set a
    * curation pipeline anti-joins against the corpus (keep-one-per-
    * cluster; [[dupClusters]] reports the clusters, this names the
    * casualties). Deterministic: the keeper is the component min. */
  def dropList(pairs: DataFrame): DataFrame = {
    val (labels, _) = ccStars(pairs)
    labels.filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The drop list under a KEEP-BEST policy: every clustered doc
    * except its cluster's highest-SCORING member — the canonical-
    * selection policy a curation pipeline actually wants (the best
    * mirror survives; [[dropList]]'s keep-min-id is the crawl-order
    * policy). `scores` carries one row per doc (id, score) — length,
    * d06 quality, d30 rarity, any ranking; unscored members rank
    * lowest, exact score ties break to the SMALLEST id so the policy
    * stays total. Output `(doc_id, cluster_id, keeper_id)`.
    *
    * Shape: the CC labels join scores on the id key, then ONE struct
    * max per cluster picks the keeper — O(1) agg state per cluster,
    * no window ever sorts a cluster's membership (a mega-cluster of
    * mirrors would serialize that sort onto one reducer). */
  def canonicalDropList(pairs: DataFrame, scores: DataFrame,
                        idCol: String = "doc_id",
                        scoreCol: String = "score"): DataFrame = {
    val (labels, _) = ccStars(pairs)
    // collapse accidental duplicate score rows deterministically (max)
    // so a doubled input row cannot fan the labels join out
    val scored = labels.join(
      scores.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("double").as("__score"))
        .groupBy(col("id")).agg(max(col("__score")).as("__score")),
      Seq("id"), "left")
    val keepers = scored
      .groupBy(col("label").as("cluster_id"))
      .agg(max(struct(
        coalesce(col("__score"), lit(Double.NegativeInfinity)).as("s"),
        (-col("id")).as("negid"))).as("__best"))
      .select(col("cluster_id"), (-col("__best.negid")).as("keeper_id"))
    scored.select(col("id").as(idCol), col("label").as("cluster_id"))
      .join(keepers, Seq("cluster_id"))
      .filter(col(idCol) =!= col("keeper_id"))
      .select(col(idCol), col("cluster_id"), col("keeper_id"))
  }

  /** Connected components over an undirected pair set via alternating
    * LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — O(log n) rounds on ANY
    * graph shape, where plain min-label propagation needs
    * O(diameter) rounds: near-dup clusters are usually shallow, but
    * a boilerplate family chained across a web-scale corpus can be
    * thousands of hops deep, turning the driver loop into thousands
    * of sequential shuffles. Each round here is the same primitive
    * machinery (groupBy-min + join over the edge set), and the edge
    * set itself contracts toward a star forest, so later rounds also
    * shrink in volume.
    *
    *  - large-star: every neighbor v > u re-attaches to
    *    min(Γ(u) ∪ {u}) — long tails fold onto small ids in halves;
    *  - small-star: edges orient larger→smaller; u and all its
    *    smaller neighbors attach to the minimum — stars flatten.
    *
    * The fixpoint is a star forest rooted at each component's
    * minimum id. Every step is a set operation (distinct / groupBy
    * min), so the result is deterministic under any partitioning.
    * Returns ((id, label) with label = component min, rounds run) —
    * rounds exposed for the convergence-bound spec.
    *
    * Per-round edge sets checkpoint at DISK_ONLY, never in the
    * unified pool: the edge set is pair-graph-sized (potentially a
    * large fraction of the corpus at 100 TB), each round's blocks
    * are read back exactly twice (next round's plan + the fixpoint
    * compare) and then dead, and MEMORY_AND_DISK residency for them
    * is protected storage that starves the upstream pair
    * aggregation's execution memory — the memory-bounded sf10
    * rehearsal (4 GB heap / 32 task threads = 128 MB per task) OOMed
    * d22/d45 exactly on that competition. Disk blocks cost a
    * serialize+write per round; the loop's cost is scheduling-bound
    * at small scale and the blocks are OS-page-cache-warm anyway. */
  /** (row count, content signature) of a (u, v) edge set in ONE job.
    * The signature is bit_xor over per-row xxhash64 — associative,
    * commutative, overflow-free (no ANSI sum trap), so it is a pure
    * function of the SET under any partitioning. Used only as a
    * may-skip-the-except guard in [[ccStars]]: unequal signatures
    * prove set inequality; equal signatures prove nothing and the
    * exact `except` check still runs. bit_xor over zero rows is NULL
    * → mapped to 0 (the loop never compares an empty round anyway:
    * edgeCount == 0 exits before the first comparison). */
  private def countAndSig(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private[graft] def ccStars(pairs: DataFrame): (DataFrame, Int) = {
    var edges = graft.Engine.loopCheckpoint(
      pairs.select(col("a_id").cast("long").as("u"),
          col("b_id").cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), Some(StorageLevel.DISK_ONLY))
    var rounds = 0
    // ONE job per round (r18, guide §1/§2: the CC loop's sf0.1 cost is
    // round-LATENCY-bound — scheduler round-trips, not data): the
    // checkpoint is LAZY and the (count, bit_xor-of-xxhash64) signature
    // aggregate is the action that materializes it, replacing the
    // former eager-checkpoint job + separate count job. The signature
    // additionally lets the fixpoint check skip the `except` anti-join
    // job whenever a round's edge set changed but kept its size:
    // different signature ⇒ definitely a different set (bit_xor of
    // per-row hashes is order/partitioning-independent) ⇒ not
    // converged, no except needed. Equal count AND equal signature
    // still CONFIRMS via except — a hash collision can therefore never
    // terminate the loop early, so the result is exactly the old one.
    var (edgeCount, edgeSig) = countAndSig(edges)
    var done = edgeCount == 0
    while (!done) {
      require(rounds < 200, "ccStars failed to converge in 200 rounds")
      // large-star over the symmetric view
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy(col("u")).agg(min(col("v")).as("__mn"))
        .select(col("u").as("lu"), least(col("__mn"), col("u")).as("m"))
      val large = sym.join(lmins, sym("u") === lmins("lu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star over the larger→smaller orientation
      val dir = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val smins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = graft.Engine.loopCheckpoint(
        dir.join(smins.select(col("u").as("su"), col("m")),
            dir("u") === col("su"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(smins.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct(), Some(StorageLevel.DISK_ONLY))
      rounds += 1
      // fixpoint = identical edge set (both sides are distinct sets);
      // signature mismatch proves inequality without the except job,
      // signature match never terminates without except confirming
      val (smallCount, smallSig) = countAndSig(small)
      done = smallCount == edgeCount && smallSig == edgeSig &&
        small.except(edges).isEmpty
      // the previous round's DISK_ONLY blocks are dead after that
      // compare — release them now (safe: `small` is independently
      // checkpointed) instead of accumulating up to 200 rounds of
      // pair-graph-sized blocks on local disk for the loop's lifetime.
      // Must target the checkpointed RDD itself: Dataset.unpersist is
      // plan-keyed (CacheManager) and no-ops on RDD-level checkpoint
      // persistence (ADVICE r16).
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(edges)
      edges = small
      edgeCount = smallCount
      edgeSig = smallSig
    }
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")))
      .distinct()
    (labels, rounds)
  }

  /** One staged incremental-dedup batch: the surviving rows plus an
    * explicit `commit()` that appends their hashes to the index.
    * Callers persist `survivors` FIRST, then commit — so a crash
    * in between leaves the docs unmarked and the re-run re-selects
    * them, instead of silently dropping docs that were marked seen
    * but never accepted anywhere. */
  final case class IncrementalDedup(survivors: DataFrame, commit: () => Unit)

  /** Incremental exact dedup against a persisted hash index — the
    * production shape where each new batch (a crawl day) dedups
    * against everything already accepted, without rereading the
    * corpus. Keeps the within-batch first instance per content hash,
    * anti-joins the already-seen hash index, and stages the
    * survivors; `commit()` appends their hashes to the index and
    * must run only AFTER the caller has persisted the survivors.
    *
    * The index stores ONLY content hashes — O(32 bytes/doc), never
    * text — so the anti-join probe side stays narrow; the survivors
    * are localCheckpoint'd before the append so writing the index
    * can never re-trigger the plan that read it (the same discipline
    * as EntityRegistry.sync). Re-running a committed batch is a
    * no-op; re-running after a crash between persist and commit
    * re-emits the same survivors (at-least-once into an
    * overwrite-per-batch output = exactly-once). */
  def dedupIncrementalStaged(spark: org.apache.spark.sql.SparkSession,
                             newDocs: DataFrame, idCol: String, textCol: String,
                             indexPath: String): IncrementalDedup = {
    // Self-heal a torn compaction swap BEFORE the exists check: in
    // the crash window between replace()'s two renames the index dir
    // is absent and only .bak holds the state — without recover the
    // probe would treat the index as EMPTY and silently re-accept
    // every already-seen document.
    StoreFs.recover(spark, indexPath)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col(idCol).asc)
    val firsts = newDocs.withColumn("__h", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val fresh =
      if (!StoreFs.exists(spark, indexPath)) firsts
      else firsts.join(StoreFs.read(spark, indexPath), Seq("__h"), "left_anti")
    // batch-sized WITH text — disk, not the unified pool (ccStars policy)
    val survivors = fresh.localCheckpoint(true, StorageLevel.DISK_ONLY)
    IncrementalDedup(survivors.drop("__h"),
      () => survivors.select(col("__h")).write.mode("append").parquet(indexPath))
  }

  /** Cross-batch NEAR-dup dedup against a persisted LSH index — the
    * production crawl loop [[dedupIncrementalStaged]] solves for
    * EXACT duplicates, solved for near-duplicates: each new batch
    * (a crawl day) is near-dedup'd against everything already
    * accepted, without re-reading the accepted corpus. Index layout
    * under `indexPath`:
    *  - `bands/` — `(band, doc_id)` LSH postings the probe joins
    *    (the only data-sized join key, fixed-width int64);
    *  - `sigs/` — `(doc_id, sig)` MinHash signatures (numPerm longs
    *    per accepted doc) for candidate verification.
    * A new doc drops when a banded candidate — indexed, or an
    * already-kept smaller-id batch sibling — agrees with it on
    * ≥ `threshold` of signature slots (the unbiased Jaccard
    * estimate; the accepted corpus' shingle sets are not stored, so
    * verification is signature-space on both sides). Within-batch
    * semantics are greedy: the larger id of every verified pair
    * drops (chains can over-drop — the standard banding trade; the
    * exact path's per-hash window has no such chains).
    *
    * Staged commit, same discipline as the exact path: persist
    * survivors FIRST, then `commit()` appends their bands+sigs — a
    * crash between the two re-runs work, never loses it; a committed
    * replay drops every doc against its own indexed signature
    * (sim = 1) and is a no-op. */
  def nearDedupIncrementalStaged(spark: org.apache.spark.sql.SparkSession,
                                 newDocs: DataFrame, idCol: String, textCol: String,
                                 indexPath: String, k: Int = 3, numPerm: Int = 64,
                                 bands: Int = 32, threshold: Double = 0.7): IncrementalDedup = {
    require(numPerm % bands == 0, s"bands=$bands must divide numPerm=$numPerm")
    // Self-heal torn compaction swaps first (see the exact path): a
    // missing bands/ or sigs/ with a .bak would read as an empty
    // index and silently re-accept near-duplicates.
    StoreFs.recover(spark, s"$indexPath/bands")
    StoreFs.recover(spark, s"$indexPath/sigs")
    // Structural params are pinned by a sidecar written at first
    // commit: probing an index with different (k, numPerm, bands)
    // would silently under-detect (band hashes never collide across
    // configs; zip_with over different-length signatures null-pads,
    // so sigAgree quietly drops) — fail loudly instead.
    checkNearParams(spark, indexPath, k, numPerm, bands)
    val (sigs, bandKeys) = nearSketch(newDocs, idCol, textCol, k, numPerm, bands)
    // native equal-slot count (SigAgreeExpr, r18) — value-identical to
    // the former aggregate(zip_with(...)) HOF chain (bit-identity
    // spec-asserted), minus its per-candidate-pair indicator array
    def sigAgree(a: Column, b: Column): Column =
      graft.functions.SigAgreeExpr.sigAgree(a, b).cast("double") / numPerm
    def verified(cands: DataFrame): DataFrame = // (doc_id, other sig join) → dropped ids
      cands.join(sigs.select(col("doc_id").as("__n_id"), col("sig").as("__n_sig")),
          col("doc_id") === col("__n_id"))
        .filter(sigAgree(col("__n_sig"), col("__o_sig")) >= threshold)
        .select(col("doc_id")).distinct()
    // ONE band join for BOTH candidate classes (r19): the within-batch
    // self-join and the cross-batch index probe join on the SAME key,
    // and the r18 event logs show them re-evaluating and re-shuffling
    // the batch band table separately (self-join left + right + probe
    // left — three band-scale passes). The "other side" postings union
    // into one table tagged by origin; the probe side joins it ONCE;
    // the within-batch `doc_id > other` constraint applies only to
    // batch-origin rows. Signature verification stays PER-ORIGIN (a
    // batch id may coincide with an index id — a replayed batch — and
    // each candidate must verify against ITS side's signature exactly
    // as before), but now joins the bounded candidate set instead of
    // re-deriving band-scale inputs. Same candidate pairs, same
    // verification, same survivors — DedupSpec pins d27's survivor
    // set.
    val batchPost = bandKeys.select(col("band"), col("doc_id").as("__o_id"),
      lit(true).as("__within"))
    val indexPost =
      if (!StoreFs.exists(spark, s"$indexPath/bands")) None
      else Some(StoreFs.read(spark, s"$indexPath/bands")
        .select(col("band"), col("doc_id").as("__o_id"),
          lit(false).as("__within")))
    val allPost = indexPost.fold(batchPost)(batchPost.unionByName(_))
    val cands = bandKeys.join(allPost, "band")
      .filter(!col("__within") || col("doc_id") > col("__o_id"))
      .select(col("doc_id"), col("__o_id"), col("__within")).distinct()
    val withinSig = cands.filter(col("__within"))
      .join(sigs.select(col("doc_id").as("__o_id2"), col("sig").as("__o_sig")),
        col("__o_id") === col("__o_id2"))
      .select(col("doc_id"), col("__o_sig"))
    val crossSig =
      if (indexPost.isEmpty) withinSig.limit(0)
      else cands.filter(!col("__within"))
        .join(StoreFs.read(spark, s"$indexPath/sigs")
          .select(col("doc_id").as("__o_id2"), col("sig").as("__o_sig")),
          col("__o_id") === col("__o_id2"))
        .select(col("doc_id"), col("__o_sig"))
    val dropped = verified(withinSig.unionByName(crossSig))
    // batch-sized WITH text — disk, not the unified pool (ccStars policy)
    val survivors = newDocs.join(
        dropped.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    IncrementalDedup(survivors, () => {
      // Sidecar first: a torn commit still records the params the
      // partial index was built with.
      if (!StoreFs.exists(spark, s"$indexPath/params.json"))
        StoreFs.writeText(spark, s"$indexPath/params.json",
          s"""{"k":$k,"numPerm":$numPerm,"bands":$bands}""")
      val keep = survivors.select(col(idCol).as("doc_id"))
      bandKeys.join(keep, "doc_id")
        .write.mode("append").parquet(s"$indexPath/bands")
      sigs.join(keep, "doc_id")
        .write.mode("append").parquet(s"$indexPath/sigs")
    })
  }

  /** The near index's sketch pass: MinHash signatures + banded
    * posting keys for a set of docs (one localCheckpoint'd sketch
    * pass feeds both). Shared by the probe, the commit, and
    * [[nearIndexAppend]]. */
  private def nearSketch(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, numPerm: Int, bands: Int): (DataFrame, DataFrame) = {
    val rows = numPerm / bands
    val base = shingled(docs, idCol, textCol, k)
    // corpus-cardinality signature rows — disk, not the unified
    // pool (ccStars policy)
    val sigs = base.select(col("doc_id"),
        MinHashFromShinglesExpr.minhash(col("__sh"), numPerm).as("sig"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val bandCols = (0 until bands).map { bIdx =>
      xxhash64((lit(bIdx) +: (0 until rows).map(r =>
        element_at(col("sig"), bIdx * rows + r + 1))): _*)
    }
    (sigs, sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("band")))
  }

  /** Append `docs` to a near-dedup index WITHOUT probing it — the
    * recovery primitive the streaming loop needs: when a crash landed
    * between persisting a batch's survivors and committing their
    * signatures, the replay must index the already-persisted
    * survivors but must NOT re-probe (the index may already hold part
    * of this batch, and a re-probe would drop every doc against its
    * own signature). Duplicate postings from a torn earlier commit
    * are harmless — probes `distinct()` candidates and drops. */
  def nearIndexAppend(spark: org.apache.spark.sql.SparkSession,
                      docs: DataFrame, idCol: String, textCol: String,
                      indexPath: String, k: Int = 3, numPerm: Int = 64,
                      bands: Int = 32): Unit = {
    require(numPerm % bands == 0, s"bands=$bands must divide numPerm=$numPerm")
    StoreFs.recover(spark, s"$indexPath/bands")
    StoreFs.recover(spark, s"$indexPath/sigs")
    checkNearParams(spark, indexPath, k, numPerm, bands)
    if (!StoreFs.exists(spark, s"$indexPath/params.json"))
      StoreFs.writeText(spark, s"$indexPath/params.json",
        s"""{"k":$k,"numPerm":$numPerm,"bands":$bands}""")
    val (sigs, bandKeys) = nearSketch(docs, idCol, textCol, k, numPerm, bands)
    bandKeys.write.mode("append").parquet(s"$indexPath/bands")
    sigs.write.mode("append").parquet(s"$indexPath/sigs")
  }

  /** Enforce the near-index params sidecar: reject a probe whose
    * structural params differ from the ones the index was built with.
    * No sidecar (pre-existing or brand-new index) passes. */
  private def checkNearParams(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String, k: Int, numPerm: Int,
                              bands: Int): Unit =
    if (StoreFs.exists(spark, s"$indexPath/params.json")) {
      val want = s"""{"k":$k,"numPerm":$numPerm,"bands":$bands}"""
      val have = StoreFs.readText(spark, s"$indexPath/params.json").trim
      require(have == want,
        s"near-dedup index at $indexPath was built with params $have, " +
          s"probe requested $want — rebuild the index or match its params")
    }

  /** Compact an incremental-dedup index. Every committed batch
    * appends one file set, so after months of daily batches the
    * probe joins open thousands of small parquet files — the classic
    * small-file tax (footer reads + task setup dominate the payload).
    * Rewrites to `nFiles` files, each table swapped in by
    * [[StoreFs.rewrite]] ([[IndexLog.compactTable]]).
    *
    * Handles BOTH dedup layouts ([[IndexLog.layout]]) and refuses a
    * mismatch or any other index layout (flattening a near index's
    * `bands/`+`sigs/` or an ANN index's subdirs through the exact path
    * would destroy it — and the post-swap .bak delete would make that
    * permanent):
    *  - exact (flat hash table): one rewrite; contents unchanged
    *    (hashes are unique by construction). Returns the hash count.
    *  - near (`bands/` + `sigs/`): each table rewritten separately,
    *    `params.json` untouched; posting and signature SETS unchanged
    *    (duplicates from crash-replayed commits are NOT collapsed —
    *    they are harmless to probes and candidate `distinct()`s).
    *    Returns the indexed-doc (signature-row) count.
    * `method` = "auto" detects from the layout; "exact"/"near" pin it.
    * Returns 0 when no index exists yet. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                   nFiles: Int = 8, method: String = "auto"): Long = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    def rewrite(table: String): Long = IndexLog.compactTable(spark, table, nFiles)
    val layout = IndexLog.layout(spark, indexPath)
    require(layout == "exact" || layout == "near",
      s"$indexPath has a persisted $layout-index layout — use its own " +
        "compactor (Similarity.compactIndex / TextIndex.compact; CLI: --method ann|text)")
    val isNear = layout == "near"
    val effective = method match {
      case "auto" => layout
      case "exact" =>
        require(!isNear, s"$indexPath has a near-dedup bands/sigs layout; " +
          "compacting it as a flat exact index would destroy it — use method=near")
        "exact"
      case "near" =>
        require(isNear || !StoreFs.exists(spark, indexPath),
          s"$indexPath has no bands/sigs layout — is it an exact index?")
        "near"
      case m => throw new IllegalArgumentException(
        s"method must be auto|exact|near, got: $m")
    }
    if (effective == "exact") rewrite(indexPath)
    else {
      rewrite(s"$indexPath/bands")
      rewrite(s"$indexPath/sigs")
    }
  }

  /** Whole incremental-dedup batch with the write ordering handled:
    * survivors are written (overwrite) to `outputPath` BEFORE the
    * index append, so the crash window between the two writes only
    * ever re-runs work, never loses it. `outputPath` must be
    * batch-specific (overwrite semantics make the re-run idempotent).
    * Returns the survivors as read back from `outputPath`. */
  def dedupIncremental(spark: org.apache.spark.sql.SparkSession,
                       newDocs: DataFrame, idCol: String, textCol: String,
                       indexPath: String, outputPath: String): DataFrame = {
    val staged = dedupIncrementalStaged(spark, newDocs, idCol, textCol, indexPath)
    staged.survivors.write.mode("overwrite").parquet(outputPath)
    staged.commit()
    StoreFs.read(spark, outputPath)
  }

  /** C4-style paragraph-level dedup: split each document on the
    * sentence boundary, keep the globally FIRST instance of every
    * distinct paragraph (ordered by doc_id, then position), and
    * report per-document how much text survives. This is the
    * line/paragraph dedup step of C4/RefinedWeb-style curation —
    * dedup below document granularity, where boilerplate actually
    * repeats.
    *
    * Scale shape: the paragraph TEXT never reaches the shuffle — it
    * is md5-hashed in the same stage as the explode (128-bit: no
    * meaningful collision at corpus scale), so the first-instance
    * window shuffles (hash, doc_id, pos) triples only. One window on
    * the hash + one groupBy back onto the doc key. */
  def paraDedup(docs: DataFrame, idCol: String, textCol: String,
                sep: String = "\\. "): DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sep)).as(Seq("pos", "__para")))
      .select(col("doc_id"), col("pos"), md5(col("__para")).as("__h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("doc_id").asc, col("pos").asc)
    paras.withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_removed"))
      .withColumn("removed_ratio",
        round(col("n_removed") / col("n_paras"), 6))
  }

  /** Benchmark-contamination scan (training-data decontamination):
    * for each corpus document, the fraction of its distinct word
    * k-shingles that also occur in `bench` — the eval/benchmark
    * corpus whose n-grams must not leak into training data.
    *
    * The benchmark shingle set is distinct'd and BROADCAST: eval
    * benchmarks are orders of magnitude smaller than a training
    * corpus, so the corpus-sized side never shuffles for the
    * membership test — one explode, one broadcast left join carrying
    * a hit marker, one groupBy back onto the doc key (map-side
    * partial). Docs with fewer than k tokens have no shingles and
    * drop out, mirrored by the oracle. The flag thresholds on the
    * ROUNDED ratio so the inclusion boundary is engine-identical. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, k: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val corpusSh = shingled(docs, idCol, textCol, k)
      .select(col("doc_id"), explode(col("__sh")).as("__s"))
    val benchSh = shingled(bench, idCol, textCol, k)
      .select(explode(col("__sh")).as("__s")).distinct()
      .withColumn("__hit", lit(1L))
    corpusSh.join(broadcast(benchSh), Seq("__s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .withColumn("overlap_ratio",
        round(col("n_overlap") / col("n_shingles"), 6))
      .withColumn("contaminated", col("overlap_ratio") >= threshold)
  }

  /** Cross-document duplicated-span REMOVAL — the transform on top of
    * the d25 signal (Lee et al. exact-substring dedup): `window`-token
    * spans at `stride` are hashed; a hash occurring in ≥ 2 DISTINCT
    * docs keeps only its globally-first instance (lexicographic min
    * (doc, pos) — deterministic on any engine/partitioning) and every
    * other instance becomes a DROP window; a token is removed iff
    * some drop window of its doc covers it; the cleaned text is the
    * remaining tokens re-joined (single-space split/join is lossless,
    * so an untouched doc round-trips bit-identically). Overlapping
    * windows compose by coverage: a kept keeper window can still lose
    * tokens to an overlapping drop window — removal is per TOKEN, the
    * deterministic composition both engines agree on.
    *
    * Output: (doc_id, text [cleaned], n_tokens [pre-clean],
    * n_removed). Docs shorter than `window` tokens pass through
    * untouched.
    *
    * Scale shape: span hashes+positions (fixed width — span text
    * never shuffles) explode once and feed both the hash-keyed
    * dup/keeper aggregation and the join probe (localCheckpoint, the
    * d03/d25 discipline); drop positions collect per doc (bounded by
    * n/stride ints/doc, only docs that LOSE spans appear); the final
    * doc-keyed join rejoins the (small) drop lists to the corpus and
    * the token filter is one codegen'd HOF pass per row. Three
    * shuffles total, all on fixed-width keys. */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 16, stride: Int = 8): DataFrame = {
    require(window >= 2 && stride >= 1,
      s"spanScrub: window >= 2 and stride >= 1 required, got ($window, $stride)")
    // corpus-sized span rows — disk, not the unified pool (ccStars policy)
    val spans = spanify(docs, idCol, textCol, window, stride)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val flags = spans.groupBy(col("h")).agg(
      (min(col("doc_id")) =!= max(col("doc_id"))).as("dup"),
      min(struct(col("doc_id"), col("pos"))).as("k"))
    val drops = spans.join(flags, Seq("h"))
      .filter(col("dup") &&
        !(col("doc_id") === col("k.doc_id") && col("pos") === col("k.pos")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__drops"))
    applyDrops(docs, idCol, textCol, drops, window)
  }

  /** `(doc_id, pos, h)` for every `window`-token span at `stride` —
    * hashed inside the HOF so span text never leaves the row.
    *
    * The tokenization is hoisted into its own projection BELOW the
    * generate: with `split` inlined inside the transform lambda it is
    * re-evaluated once per SPAN, which is quadratic per document —
    * invisible on ~300-char docs, a >15-minute single row on a zipf
    * giant (1.7M tokens -> 212k spans x 1.7M-token re-splits). The
    * multi-reference guard in CollapseProject keeps the hoist from
    * being folded back into the lambda (3 consumers, non-cheap). */
  private def spanify(docs: DataFrame, idCol: String, textCol: String,
                      window: Int, stride: Int): DataFrame = {
    val spanArr =
      s"""transform(sequence(1, size(__toks) - ${window - 1}, $stride),
         | i -> named_struct('pos', i,
         |   'h', md5(array_join(slice(__toks, i, $window), ' '))))"""
        .stripMargin.replace("\n", " ")
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"),
        explode(when(size(col("__toks")) >= window, expr(spanArr))
          .otherwise(expr("cast(array() as array<struct<pos:int,h:string>>)"))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
  }

  /** Remove every token covered by a drop window; re-join the rest.
    * One streaming pass per row (ScrubSpansExpr) — the former
    * zip_with-structs + filter(exists) + array_join chain
    * materialized a ~300 MB transient struct array for ONE zipf-giant
    * row (the r17 128 MB/task OOM) and rescanned the drop list per
    * token; the native pass costs the text bytes and a two-pointer
    * sweep of the sorted drops. */
  private def applyDrops(docs: DataFrame, idCol: String, textCol: String,
                         drops: DataFrame, window: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(drops, Seq("doc_id"), "left")
      .withColumn("__drops", coalesce(col("__drops"), expr("cast(array() as array<int>)")))
      .withColumn("__s", graft.functions.ScrubSpansExpr.scrub(
        col("__text"), col("__drops"), window))
      .select(col("doc_id"),
        col("__s.cleaned").as("text"),
        col("__s.n_tokens").cast("long").as("n_tokens"),
        col("__s.n_removed").cast("long").as("n_removed"))

  /** Incremental [[spanScrub]] against a persisted span index — the
    * crawl-loop form: each batch scrubs (a) every window whose hash
    * the ACCEPTED corpus already contains, with no keeper (the corpus
    * holds the original), and (b) within-batch cross-doc duplicates
    * beyond the batch keeper (the spanScrub rule). `commit()` appends
    * the span hashes of the CLEANED text (recomputed post-scrub, so
    * the index only ever describes spans that exist in the accepted
    * corpus), tagged with `batchId`.
    *
    * Exactly-once via the batch tag, stronger than a marker: the
    * probe EXCLUDES index rows carrying this `batchId`, so a replay
    * after a completed commit scrubs against exactly the pre-commit
    * index and reproduces the identical cleaned batch (instead of
    * emptying its own docs against their own spans); `commit()` is a
    * no-op when rows with this tag already exist. A crash between the
    * survivors' persist and the commit replays to the same output
    * trivially (index unchanged). Same staged discipline as
    * [[dedupIncrementalStaged]]: persist survivors FIRST. */
  def spanScrubIncremental(spark: org.apache.spark.sql.SparkSession,
                           newDocs: DataFrame, idCol: String, textCol: String,
                           indexPath: String, batchId: String,
                           window: Int = 16, stride: Int = 8): IncrementalDedup = {
    require(window >= 2 && stride >= 1,
      s"spanScrubIncremental: window >= 2 and stride >= 1 required, got ($window, $stride)")
    require(batchId.nonEmpty, "spanScrubIncremental: batchId required (exactly-once tag)")
    StoreFs.recover(spark, indexPath)
    // batch-sized span rows — disk, not the unified pool (ccStars policy)
    val spans = spanify(newDocs, idCol, textCol, window, stride)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val indexed: Option[DataFrame] =
      if (!StoreFs.exists(spark, indexPath)) None
      else Some(StoreFs.read(spark, indexPath)
        .filter(col("batch") =!= batchId) // replay: exclude own prior commit
        .select(col("h")).distinct()
        .withColumn("__ixd", lit(true)))
    val flagged = indexed match {
      case Some(ix) => spans.join(ix, Seq("h"), "left")
        .withColumn("__ixd", coalesce(col("__ixd"), lit(false)))
      case None => spans.withColumn("__ixd", lit(false))
    }
    // batch-keeper rule applies only to spans the corpus does NOT hold
    val flags = flagged.filter(!col("__ixd"))
      .groupBy(col("h")).agg(
        (min(col("doc_id")) =!= max(col("doc_id"))).as("dup"),
        min(struct(col("doc_id"), col("pos"))).as("k"))
    val drops = flagged.join(flags, Seq("h"), "left")
      .filter(col("__ixd") || (col("dup") &&
        !(col("doc_id") === col("k.doc_id") && col("pos") === col("k.pos"))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__drops"))
    // batch-sized WITH text — disk, not the unified pool (ccStars policy)
    val cleaned = applyDrops(newDocs, idCol, textCol, drops, window)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    IncrementalDedup(cleaned, () => {
      val alreadyCommitted = StoreFs.exists(spark, indexPath) &&
        !StoreFs.read(spark, indexPath).filter(col("batch") === batchId).isEmpty
      if (!alreadyCommitted)
        spanify(cleaned, "doc_id", "text", window, stride)
          .select(col("h")).distinct()
          .withColumn("batch", lit(batchId))
          .write.mode("append").parquet(indexPath)
    })
  }
}
